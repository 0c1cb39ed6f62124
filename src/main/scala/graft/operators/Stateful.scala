package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Rate/correlation operators — Logstash's throttle, metrics, and aggregate
  * filters re-expressed as window functions and grouped aggregations
  * (SURVEY.md §2.4). In batch mode these are exact (the reference's
  * wall-clock versions are approximations of exactly these semantics);
  * streaming variants live in graft.streaming.
  */
object Stateful {

  /** throttle filter: allow at most `maxPerPeriod` events per key per period;
    * later events in the period are marked throttled (reference tags
    * "throttled" and drops or passes based on before/after counts).
    * Window spec shuffles once on (key, period) — the natural partitioning.
    */
  def throttle(df: DataFrame, keyCol: String, tsCol: String,
               period: String, maxPerPeriod: Int,
               orderCols: Seq[String] = Nil): DataFrame = {
    val periodCol = date_trunc(period, col(tsCol))
    val order = (col(tsCol) +: orderCols.map(col)).toIndexedSeq
    val w = Window.partitionBy(col(keyCol), periodCol).orderBy(order: _*)
    df.withColumn("_rank_in_period", row_number().over(w))
      .withColumn("throttled", col("_rank_in_period") > maxPerPeriod)
      .drop("_rank_in_period")
  }

  /** Hot-key-hardened throttle — identical output to [[throttle]], but no
    * single reducer ever sees a whole flooded (key, period):
    *
    *  1. salt events into `salt` buckets by a hash of the order tuple and
    *     rank WITHIN (key, period, bucket). An event's global rank is >= its
    *     bucket rank, so bucket-rank > max is already a proven throttle —
    *     those rows never enter a wide window. Each phase-1 window partition
    *     holds ~1/salt of even the hottest key.
    *  2. the survivors (<= salt*max rows per (key, period), by construction)
    *     get the exact verdict: survivor-rank > max throttles, and so does
    *     having ANY proven-throttled event earlier in the order — because a
    *     bucket-rank-(max+1) event has max earlier events in its own bucket,
    *     all of which precede the candidate too.
    *
    * The phase-2 window is bounded at salt*max rows per partition regardless
    * of skew; the phase-1 windows are bounded by the salt fan-out. One key
    * flooding one period can therefore never pin a reducer.
    */
  def throttleTwoPhase(df: DataFrame, keyCol: String, tsCol: String,
                       period: String, maxPerPeriod: Int,
                       orderCols: Seq[String] = Nil, salt: Int = 16): DataFrame = {
    val order = (col(tsCol) +: orderCols.map(col)).toIndexedSeq
    val base = df
      .withColumn("_tp", date_trunc(period, col(tsCol)))
      .withColumn("_ord", struct(order: _*))
      .withColumn("_sb", pmod(xxhash64(order.map(_.cast("string")): _*), lit(salt)))
    val w1 = Window.partitionBy(col(keyCol), col("_tp"), col("_sb"))
      .orderBy(order: _*)
    // persist phase 1: it feeds THREE consumers (proven branch, candidate
    // branch, earliest-proven aggregate) — without this the scan + salt
    // window shuffle would run three times. Eager count populates the cache
    // BEFORE the union job materializes both branches (cache population is
    // not synchronized across branches of one job).
    val marked = graft.plans.CacheScope.persist(
      base.withColumn("_rk1", row_number().over(w1)))
    val proven = marked.filter(col("_rk1") > maxPerPeriod) // throttled for sure
    val cand = marked.filter(col("_rk1") <= maxPerPeriod)
    // earliest proven-throttled order tuple per (key, period)
    val firstProven = proven.groupBy(col(keyCol), col("_tp"))
      .agg(min(col("_ord")).as("_xmin"))
    val w2 = Window.partitionBy(col(keyCol), col("_tp")).orderBy(order: _*)
    val candOut = cand
      .join(firstProven, Seq(keyCol, "_tp"), "left")
      .withColumn("_rkc", row_number().over(w2))
      .withColumn("throttled",
        col("_rkc") > maxPerPeriod ||
          (col("_xmin").isNotNull && col("_ord") > col("_xmin")))
      .drop("_rkc", "_xmin")
    candOut.unionByName(proven.withColumn("throttled", lit(true)))
      .drop("_tp", "_ord", "_sb", "_rk1")
  }

  /** throttle with the reference's full before/after window: events ranked
    * within (key, period); throttled when rank < `beforeCount` (still warming
    * up) or rank > `afterCount` (rate exceeded) — the reference tags both
    * edges so downstream can pass only the [before, after] band.
    */
  def throttleRange(df: DataFrame, keyCol: String, tsCol: String,
                    period: String, beforeCount: Int, afterCount: Int,
                    orderCols: Seq[String] = Nil): DataFrame = {
    val periodCol = date_trunc(period, col(tsCol))
    val order = (col(tsCol) +: orderCols.map(col)).toIndexedSeq
    val w = Window.partitionBy(col(keyCol), periodCol).orderBy(order: _*)
    df.withColumn("_rank_in_period", row_number().over(w))
      .withColumn("throttled",
        col("_rank_in_period") < beforeCount || col("_rank_in_period") > afterCount)
      .drop("_rank_in_period")
  }

  /** Hot-key-hardened form of [[throttleMatched]] — identical output, but no
    * reducer ever sees a whole flooded (key, period). Throttle exists FOR
    * flood regimes, and a flood is by definition one hot key, so the config
    * path must not serialize it (the single-window form does).
    *
    * Same two-phase construction as [[throttleTwoPhase]], generalized to the
    * before/after band and the conditional gate (rank = running count of
    * GATED rows):
    *
    *  1. salt-bucket by a hash of the order tuple; `rk1` = gated running
    *     count within (key, slot, bucket). A row's global gated rank is >=
    *     rk1, so rk1 above the threshold `T` is already a PROVEN verdict:
    *     with `after_count` active, rk1 > after means rank > after — matched
    *     for sure; with only `before_count` active, rk1 >= before means
    *     rank >= before — unmatched for sure. Proven rows never enter a
    *     wide window.
    *  2. candidates (gated rows with rk1 <= T, <= salt*T per (key, slot) by
    *     construction) get the exact verdict: all gated rows ordered before
    *     the EARLIEST proven row are themselves candidates (a proven row
    *     can't precede the minimum proven order tuple), so a candidate
    *     before it has exact rank = its rank among candidates, and a
    *     candidate after it inherits the proven row's verdict (its rank
    *     exceeds the proven row's, which already cleared T).
    *
    * Ungated rows are unmatched by definition and bypass both windows.
    * Phase-1 partitions hold ~1/salt of the hottest key; phase 2 is bounded
    * at salt*T rows per (key, slot) regardless of skew. Ties in the order
    * tuple are resolved arbitrarily (same caveat as [[throttleMatched]] —
    * pass a unique tiebreak in `orderCols` for determinism).
    */
  def throttleMatchedTwoPhase(df: DataFrame, key: Column, ts: Column, periodSec: Long,
                              beforeCount: Int, afterCount: Int,
                              gate: Column = lit(true),
                              orderCols: Seq[Column] = Nil,
                              matchedCol: String = "_throttle_matched",
                              salt: Int = 16): DataFrame = {
    if (beforeCount <= 0 && afterCount <= 0)
      return df.withColumn(matchedCol, lit(false))
    val threshold = if (afterCount > 0) afterCount else beforeCount - 1
    val slot = floor(unix_timestamp(ts) / periodSec)
    val order = (ts +: orderCols).toIndexedSeq
    val base = df
      .withColumn("_tkey", key)
      .withColumn("_tslot", slot)
      .withColumn("_tgate", coalesce(gate, lit(false)))
      .withColumn("_tord", struct(order: _*))
      .withColumn("_tsb", pmod(xxhash64(order.map(_.cast("string")): _*), lit(salt)))
    val w1 = Window.partitionBy(col("_tkey"), col("_tslot"), col("_tsb"))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // persisted: feeds four consumers (ungated, proven, candidates, xmin agg)
    val marked = graft.plans.CacheScope.persist(
      base.withColumn("_trk1", sum(when(col("_tgate"), 1).otherwise(0)).over(w1)))
    val ungated = marked.filter(!col("_tgate"))
      .withColumn(matchedCol, lit(false))
    val provenM = col("_tgate") && col("_trk1") > threshold
    val proven = marked.filter(provenM)
      .withColumn(matchedCol, lit(afterCount > 0)) // after: matched; before-only: not
    val cand = marked.filter(col("_tgate") && col("_trk1") <= threshold)
    val firstProven = marked.filter(provenM)
      .groupBy(col("_tkey"), col("_tslot")).agg(min(col("_tord")).as("_txmin"))
    val w2 = Window.partitionBy(col("_tkey"), col("_tslot")).orderBy(order: _*)
    val candOut = cand
      .join(firstProven, Seq("_tkey", "_tslot"), "left")
      .withColumn("_trkc", row_number().over(w2))
      .withColumn(matchedCol,
        when(col("_txmin").isNotNull && col("_tord") > col("_txmin"),
          lit(afterCount > 0)) // inherits the proven verdict past the cutover
          .otherwise( // exact: rank among candidates IS the gated rank
            (if (beforeCount > 0) col("_trkc") < beforeCount else lit(false)) ||
              (if (afterCount > 0) col("_trkc") > afterCount else lit(false))))
      .drop("_trkc", "_txmin")
    candOut.unionByName(proven).unionByName(ungated)
      .drop("_tkey", "_tslot", "_tgate", "_tord", "_tsb", "_trk1")
  }

  /** metrics filter: rolling per-period counters per named field value —
    * flushed as synthetic (period, name, count, rate) rows.
    */
  def metrics(df: DataFrame, nameCol: String, tsCol: String, period: String): DataFrame =
    df.groupBy(date_trunc(period, col(tsCol)).as("period"), col(nameCol).as("name"))
      .agg(count(lit(1)).as("events"))

  /** throttle filter, config surface (logstash-filter-throttle): events
    * ranked within (sprintf'd key, epoch timeslot of `periodSec` seconds);
    * an event is MATCHED — the plugin's decorator tags it — when its rank
    * falls outside the [beforeCount, afterCount] band: rank < beforeCount
    * (still warming up) or rank > afterCount (rate exceeded). A non-positive
    * count disables that edge (the reference's -1 default). `gate` restricts
    * both counting and matching to rows satisfying an enclosing conditional:
    * rank = running count of GATED rows (a conditional cumulative sum over
    * the same window), exactly the reference's per-event evaluation under
    * `if`. One exchange on (key, slot) — the natural partitioning; for a
    * single key flooding one period use [[throttleTwoPhase]] (API path).
    */
  def throttleMatched(df: DataFrame, key: Column, ts: Column, periodSec: Long,
                      beforeCount: Int, afterCount: Int, gate: Column = lit(true),
                      orderCols: Seq[Column] = Nil,
                      matchedCol: String = "_throttle_matched"): DataFrame = {
    val slot = floor(unix_timestamp(ts) / periodSec)
    val w = Window.partitionBy(key, slot).orderBy((ts +: orderCols).toIndexedSeq: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = sum(when(gate, 1).otherwise(0)).over(w)
    val lo = if (beforeCount > 0) rk < beforeCount else lit(false)
    val hi = if (afterCount > 0) rk > afterCount else lit(false)
    df.withColumn(matchedCol, gate && (lo || hi))
  }

  /** metrics filter, config surface (logstash-filter-metrics): every event
    * increments each sprintf'd meter; one synthetic metric event per
    * (meter, flush interval) carries the LIFETIME-cumulative `count` (the
    * reference's counters are cumulative across flushes) stamped with the
    * flush-boundary `@timestamp`. Wall-clock EWMA rates (rate_1m/5m/15m) are
    * process-time artifacts with no batch analogue — deliberately absent;
    * the Flow operators provide the windowed-rate surface. One explode +
    * one grouped agg + one window, all keyed on the meter — meter
    * cardinality is config-sized, so the exchange is tiny at any input size.
    */
  def metricsFlush(df: DataFrame, meterCols: Seq[Column], ts: Column,
                   flushSec: Long): DataFrame = {
    val slot = floor(unix_timestamp(ts) / flushSec).cast("long")
    val perFlush = df
      .select(explode(array(meterCols: _*)).as("meter"), slot.as("_slot"))
      .groupBy(col("meter"), col("_slot"))
      .agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(col("meter")).orderBy(col("_slot"))
    perFlush
      .withColumn("count", sum(col("_n")).over(w))
      .withColumn("@timestamp", timestamp_seconds((col("_slot") + 1) * flushSec))
      .drop("_n", "_slot")
  }

  /** aggregate filter: correlate events sharing a task key; one summary row
    * per key (count, first/last event time, numeric sum). The batch-exact
    * analogue of the reference's per-task_id map + timeout flush.
    */
  def aggregateByKey(df: DataFrame, keyCol: String, tsCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_ts"),
        max(col(tsCol)).as("last_ts"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("total_value"))

  /** aggregate filter `push_previous_map_as_event` analogue: in the
    * reference's single-worker mode the per-task map is flushed when the
    * task key CHANGES between consecutive events. Batch-exact form:
    * change-point sessionization — lag marks key changes per stream, a
    * running sum numbers the runs, one summary row per run. Two window
    * passes + the grouped agg all share ONE hash partitioning on the stream
    * key (single exchange, like Codec.multiline).
    */
  def sessionRuns(df: DataFrame, streamCol: String, orderCol: String,
                  taskCol: String): DataFrame = {
    val w = Window.partitionBy(col(streamCol)).orderBy(col(orderCol))
    df.withColumn("_chg",
        when(lag(col(taskCol), 1).over(w) <=> col(taskCol), 0).otherwise(1))
      .withColumn("run_id", sum(col("_chg")).over(w))
      .groupBy(col(streamCol), col("run_id"), col(taskCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(orderCol)).as("first_o"), max(col(orderCol)).as("last_o"))
  }

  /** elapsed filter (logstash-filter-elapsed): correlate start/end event
    * pairs sharing a unique id. On an end event whose id has a seen start,
    * set `elapsed_time` (seconds, double) and `elapsed_timestamp_start` and
    * tag [elapsed, elapsed_match]; an end without a start tags
    * [elapsed, elapsed_end_without_start]. The reference's timeout flush
    * (a start never followed by an end generates an expired event after N
    * seconds of wall clock) becomes the batch-exact end-of-input rule: a
    * start whose id has NO end is tagged elapsed_expired_error in place
    * (the reference emits a synthetic event; tagging the start keeps row
    * count = input count, the typed-frame analogue). Duplicate starts: the
    * EARLIEST wins (the reference stores the first seen).
    *
    * Known divergence: an end whose timestamp PRECEDES the earliest start
    * for its id still matches here (whole-batch correlation sees all starts
    * at once), yielding a negative `elapsed_time`; the reference, processing
    * in arrival order, would tag it elapsed_end_without_start. The batch
    * rule is deliberate — input order is not part of the batch contract —
    * and the oracle mirrors it. Three hash
    * exchanges all keyed on the correlation id — the natural partitioning;
    * the aggregated start/end sides are id-cardinality, so AQE broadcasts
    * them when small.
    */
  def elapsed(df: DataFrame, idCol: String, tsCol: String,
              isStart: Column, isEnd: Column): DataFrame = {
    val starts = df.filter(isStart).groupBy(col(idCol))
      .agg(min(col(tsCol)).as("_el_start"))
    val ends = df.filter(isEnd).groupBy(col(idCol))
      .agg(count(lit(1)).as("_el_nend"))
    val j = df.join(starts, Seq(idCol), "left").join(ends, Seq(idCol), "left")
    val matchedEnd = isEnd && col("_el_start").isNotNull
    val expiredStart = isStart && col("_el_nend").isNull
    val base: Column =
      if (df.columns.contains("tags"))
        coalesce(col("tags"), array().cast("array<string>"))
      else array().cast("array<string>")
    j.withColumn("elapsed_time",
        when(matchedEnd, col(tsCol).cast("double") - col("_el_start").cast("double")))
      .withColumn("elapsed_timestamp_start", when(matchedEnd, col("_el_start")))
      .withColumn("tags",
        when(matchedEnd, concat(base, array(lit("elapsed"), lit("elapsed_match"))))
          .when(isEnd, concat(base, array(lit("elapsed"), lit("elapsed_end_without_start"))))
          .when(expiredStart, concat(base, array(lit("elapsed_expired_error"))))
          .otherwise(base))
      .drop("_el_start", "_el_nend")
  }

  /** clone filter: emit one copy per requested `types` value, each tagged
    * with its clone type (plus the original when keepOriginal).
    */
  def cloneEvents(df: DataFrame, types: Seq[String], keepOriginal: Boolean = true): DataFrame = {
    val variants = (if (keepOriginal) Seq(lit(null: String)) else Nil) ++ types.map(lit(_))
    df.withColumn("type", explode(array(variants: _*)))
  }

  /** split filter: one event per element of an array column. */
  def splitField(df: DataFrame, arrayCol: String, target: String): DataFrame =
    df.withColumn(target, explode(col(arrayCol)))
}
